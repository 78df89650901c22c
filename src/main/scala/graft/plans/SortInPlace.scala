package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** AQE query-stage preparation rule: a global sort whose input AQE would
  * read as ONE partition anyway is sorted in place, without the range
  * exchange EnsureRequirements put under it.
  *
  * That exchange costs two Spark jobs on a small result: the
  * `RangePartitioner` sampling job, which recomputes the whole stage
  * below, and the exchange's own shuffle-map job — after which AQE folds
  * the few-kilobyte range shuffle back to one partition. The rule swaps
  * an `ENSURE_REQUIREMENTS` `Exchange rangepartitioning(…, n > 1)` for
  * `CoalesceExec(1, child)` only when
  *   - `child` is a unary chain of operators that never emit more rows
  *     than they read (project, filter, aggregates, sort, window, window
  *     group limit, [[TopKPerKeyExec]]) — no generate, join, expand or
  *     union, so the stage's bytes bound the sort's input;
  *   - every leaf is a materialized shuffle query stage;
  *   - Spark's own `CoalesceShufflePartitions`, applied to `child`, reads
  *     every leaf as one partition. That is the rule AQE runs on the
  *     exchange's stage, so its arguments (advisory and minimum partition
  *     size, parallelism first, `coalescePartitions.enabled`, the shuffle
  *     origins it may coalesce) are Spark's by construction: a pinned
  *     `repartition(n, …)` (`Spread.by`) or a stage above the one-partition
  *     size keeps its exchange.
  * So the rule fires only where the exchange's map side would already run
  * as one task, and the global `SortExec` over a single partition gives
  * the same total order (ties included: the stable sort sees the rows in
  * the same order). At scale, with large stages, pinned barriers or AQE
  * off, the plan is unchanged.
  */
case class SortInPlace(session: SparkSession) extends Rule[SparkPlan] {
  private val coalesce = CoalesceShufflePartitions(session)

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case ShuffleExchangeExec(RangePartitioning(_, n), child,
        ENSURE_REQUIREMENTS, _) if n > 1 && fitsOnePartition(child) =>
      CoalesceExec(1, child)
  }

  private def fitsOnePartition(child: SparkPlan): Boolean =
    rowsNeverGrow(child) && {
      val reads = coalesce(child).collect {
        case r: AQEShuffleReadExec => r.partitionSpecs.length
      }
      reads.nonEmpty && reads.forall(_ == 1)
    }

  /** A unary chain of non-row-multiplying operators down to one
    * materialized shuffle stage. */
  private def rowsNeverGrow(p: SparkPlan): Boolean = p match {
    case s: ShuffleQueryStageExec => s.isMaterialized
    case _: ProjectExec | _: FilterExec | _: HashAggregateExec |
         _: ObjectHashAggregateExec | _: SortAggregateExec | _: SortExec |
         _: WindowExec | _: WindowGroupLimitExec | _: TopKPerKeyExec =>
      rowsNeverGrow(p.children.head)
    case _ => false
  }
}
