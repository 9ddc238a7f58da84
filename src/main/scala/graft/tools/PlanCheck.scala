package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SparkPartitionID
import org.apache.spark.sql.execution.{BaseLimitExec, CollectLimitExec, FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}

import graft.pipeline.QueryMetrics

/** Structural plan predicates shared by the [[PlanAudit]] sweep and
  * the PlanSpec pins — the round-4 verdict's "partition-less window"
  * detector. A window with an empty PARTITION BY requires AllTuples
  * distribution, which Spark satisfies with `Exchange SinglePartition`
  * + a one-task sort of the entire input — the scale-killer shape
  * unless the input grain is bounded by construction.
  */
object PlanCheck {

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec        => unwrap(q.plan)
    case other                    => other
  }

  /** Partition-less windows that are NOT an auto-recognized bounded
    * shape. Two shapes are exempt structurally:
    *
    *  - input aggregated by `SPARK_PARTITION_ID()` — at most one row
    *    per shuffle partition regardless of data volume
    *    ([[graft.ops.DistributedRank]]'s offsets cumsum);
    *  - Spark's rank-limit pushdown: `WindowGroupLimit` (each
    *    upstream partition ships ≤ k rows into the single-partition
    *    sort) or, for empty PARTITION BY, the `Limit`/
    *    `TakeOrderedAndProject` the optimizer inserts below the
    *    window (q39's global top-10) — a literal row cap either way.
    *
    * The walk passes ONLY through narrow per-row nodes plus the
    * window's own aggregate; it stops at joins/generates/scans, so a
    * bounded subtree deeper in the query cannot launder an unbounded
    * window above it. Anything returned here is for the caller to
    * flag or justify against an explicit per-query allowance (e.g.
    * q74's lag over the |years|-row aggregate).
    */
  def partitionlessWindows(df: DataFrame): Seq[String] =
    partitionlessWindows(df.queryExecution.executedPlan)

  /** [[partitionlessWindows]] of a physical plan, cached frames' plans
    * included ([[QueryMetrics.allNodes]]). */
  def partitionlessWindows(plan: SparkPlan): Seq[String] =
    QueryMetrics.allNodes(plan).collect {
      case w: WindowExecBase
          if w.partitionSpec.isEmpty && !boundedInput(w.child) =>
        s"Window[${w.windowExpression.map(_.sql).mkString(",").take(100)}]"
    }.toSeq

  private def boundedInput(p: SparkPlan): Boolean = unwrap(p) match {
    case _: WindowGroupLimitExec        => true
    case _: TakeOrderedAndProjectExec   => true
    case _: BaseLimitExec               => true
    case _: CollectLimitExec            => true
    case pr: ProjectExec =>
      pr.projectList.exists(_.exists(_.isInstanceOf[SparkPartitionID])) ||
        boundedInput(pr.child)
    case a: BaseAggregateExec       => boundedInput(a.child)
    case s: SortExec                => boundedInput(s.child)
    case f: FilterExec              => boundedInput(f.child)
    case e: ShuffleExchangeLike     => boundedInput(e.child)
    case w: WholeStageCodegenExec   => boundedInput(w.child)
    case i: InputAdapter            => boundedInput(i.child)
    case r: AQEShuffleReadExec      => boundedInput(r.child)
    case _                          => false
  }
}
