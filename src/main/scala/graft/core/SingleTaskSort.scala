package graft.core

import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Repartition, Sample, Sort}
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{V1WriteCommand, WriteFiles}
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: a global sort whose input AQE has already materialized
  * and measured as small runs in one task, so it starts no range-shuffle
  * jobs.
  *
  * A global `Sort` requires an `OrderedDistribution`, which
  * `EnsureRequirements` meets with a range exchange. That exchange costs
  * two jobs of its own: a `RangePartitioner` sampling job that picks the
  * partition bounds, and the range-shuffle map stage. A `groupBy … orderBy`
  * over a few aggregated rows pays both to spread those rows over
  * `spark.sql.shuffle.partitions` tasks. Rewriting `Sort(global, child)` to
  * `Sort(global, Repartition(1, shuffle = false, child))` plans a
  * `CoalesceExec(1)`, whose `SinglePartition` output already satisfies the
  * ordering requirement, so no range exchange is planned and the sort runs
  * in the result stage.
  *
  * The rule fires only when all of these hold:
  *  - The sort's child is `Project`/`Filter` over a `LogicalQueryStage`
  *    whose query stages have all materialized. Their sizes are then
  *    runtime measurements; a Catalyst estimate can be off by orders of
  *    magnitude, and one task over a misjudged input is a scale-killer.
  *  - Those stages do not already deliver the sort's ordered distribution.
  *    A sort that reads a scan gets its range exchange as AQE's first
  *    stage; once that has run, there is no job left to save.
  *  - Those stages' runtime `sizeInBytes` total at most
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`. That is the size
  *    AQE itself targets for one partition when it coalesces shuffle
  *    partitions, so one task over at most that much is what AQE would
  *    plan anyway, and no new knob is needed. At scale the measured input
  *    exceeds it and the plan is left unchanged.
  *  - The sort's ancestors are only `Project`, `Filter`, `GlobalLimit`,
  *    `LocalLimit`, `Repartition(shuffle = false)`, or a file write of the
  *    sorted result (`V1WriteCommand` over `WriteFiles`, as `Verify`
  *    makes). Anything else (a join, an aggregate, a window) would inherit
  *    the single partition and lose its parallelism.
  *  - The whole plan, materialized stages included, is deterministic and
  *    has no `Sample`. Partition-indexed values such as `rand(seed)`,
  *    `monotonically_increasing_id()` and `spark_partition_id()` depend on
  *    how rows are partitioned, and would change.
  */
object SingleTaskSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (partitionSensitive(plan)) plan else tail(plan)

  private def partitionSensitive(plan: LogicalPlan): Boolean = plan.exists {
    case q: LogicalQueryStage => partitionSensitive(q.logicalPlan)
    case _: Sample => true
    case p => p.expressions.exists(!_.deterministic)
  }

  private def tail(plan: LogicalPlan): LogicalPlan = plan match {
    case s @ Sort(order, true, child, _) if measuredBytes(child, OrderedDistribution(order))
        .exists(_ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) =>
      s.copy(child = Repartition(1, shuffle = false, child))
    case _: Project | _: Filter | _: GlobalLimit | _: LocalLimit | Repartition(_, false, _) |
         _: V1WriteCommand | _: WriteFiles =>
      plan.withNewChildren(Seq(tail(plan.children.head)))
    case _ => plan
  }

  /** Total runtime size of the stages under `Project`/`Filter`, or None
    * while any of them has not materialized or when they already deliver
    * the `required` distribution. */
  private def measuredBytes(plan: LogicalPlan, required: OrderedDistribution): Option[BigInt] = plan match {
    case Project(_, child) => measuredBytes(child, required)
    case Filter(_, child) => measuredBytes(child, required)
    case q: LogicalQueryStage if !q.physicalPlan.outputPartitioning.satisfies(required) =>
      val stats = q.physicalPlan.collect { case s: QueryStageExec => s.computeStats() }
      if (stats.nonEmpty && stats.forall(_.isDefined)) Some(stats.flatten.map(_.sizeInBytes).sum)
      else None
    case _ => None
  }
}
