package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.core.Sessions

/** Engine observability: turns every completed action that a
  * [[Sessions.capture]] saw into a metrics record — rows produced,
  * shuffle volume, spill — harvested from the executed plan's
  * SQLMetrics.
  *
  * This extends the reference's audit-log habit (K6: one 9-column row
  * per job, `comlib.py:386-408`) with the plan-level numbers the
  * reference never had: at 100 TB "how many bytes did this query
  * shuffle" is the difference between a regression caught in the log
  * table and one caught by the infra bill. The records flush to a
  * DataFrame for the K6-style append ([[toDF]]).
  */
object QueryMetrics {

  /** One completed action's plan-level accounting. `planMs` is the
    * action's optimization + physical planning, from its own
    * `QueryPlanningTracker` (it stays off the K6 frame of [[toDF]]). */
  case class Record(
      funcName: String,
      durationNs: Long,
      outputRows: Long,
      shuffleBytes: Long,
      shuffleRecords: Long,
      spillBytes: Long,
      failed: Boolean,
      planMs: Long)

  /** The record of one captured execution. */
  def of(e: Sessions.Execution): Record = {
    val metrics = allNodes(e.qe.executedPlan).flatMap(_.metrics).toSeq
    def sum(name: String): Long =
      metrics.collect { case (`name`, m) => math.max(m.value, 0L) }.sum
    Record(
      e.name, e.durationNs,
      outputRows = metrics.collect { case ("numOutputRows", m) => math.max(m.value, 0L) }
        .maxOption.getOrElse(0L),
      // Only the shuffle writer's own byte counter: every
      // ShuffleExchangeExec exposes BOTH `dataSize` (uncompressed rows
      // materialized) and `shuffleBytesWritten` (compressed on the wire),
      // and BroadcastExchangeExec exposes `dataSize` too — summing both
      // double-counts each shuffle and folds broadcast bytes into the
      // "shuffle volume" this record exists to isolate.
      shuffleBytes = sum("shuffleBytesWritten"),
      shuffleRecords = sum("shuffleRecordsWritten"),
      spillBytes = sum("spillSize"),
      failed = e.failure.isDefined,
      planMs = Seq("optimization", "planning").flatMap(e.qe.tracker.phases.get)
        .map(_.durationMs).sum)
  }

  /** The records as a frame, ready for a K6-style audit append. */
  def toDF(spark: SparkSession, records: Seq[Record]): DataFrame = {
    import spark.implicits._
    records.map(r => (r.funcName, r.durationNs, r.outputRows,
      r.shuffleBytes, r.shuffleRecords, r.spillBytes, r.failed))
      .toDF("func_name", "duration_ns", "output_rows",
        "shuffle_bytes", "shuffle_records", "spill_bytes", "failed")
  }

  /** Every node of an executed plan — the one plan walker (these
    * records' metrics, `ScanCount`'s scan audit, `PlanCheck`'s window
    * detector). AQE hides the real plan: AdaptiveSparkPlanExec carries
    * the final plan in `executedPlan` (not `children`) and each
    * materialized stage sits behind a QueryStageExec wrapper — a plain
    * `foreach` sees only the adaptive root and reads every metric as 0.
    * Cached frames hide theirs the same way: the shuffles that built a
    * persisted stage live under InMemoryTableScan's cachedPlan, not in
    * `children` — without descending there, any query that persists an
    * intermediate reports ~0 shuffle volume. Each distinct cached plan
    * is visited once even when scanned twice. */
  def allNodes(p: SparkPlan): Iterator[SparkPlan] = {
    val seenCached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(p: SparkPlan): Iterator[SparkPlan] =
      Iterator(p) ++ (p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec        => go(q.plan)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seenCached.add(m.relation.cachedPlan)) go(m.relation.cachedPlan)
          else Iterator.empty
        case other => other.children.iterator.flatMap(go)
      })
    go(p)
  }
}
